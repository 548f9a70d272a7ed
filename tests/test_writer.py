"""Round-trip tests for the DataFrame writer surface:
``df.write.format("hudi_py")`` (COW/MOR insert, overwrite), the upsert/
delete helpers, compaction, the streaming sink, writer-emitted MDT, and
writer-driven schema evolution.

The written tables are verified through BOTH read paths (eager
HudiTable.read and the connector) — the same invariants the reference
fixture matrix pins, now satisfied by repo-authored tables."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "table")


def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    try:
        spark.dataSource.register(HudiPyDataSource)
    except Exception:
        pass


def _write(df, path, mode="append", **options):
    w = df.write.format("hudi_py").option("path", path)
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _load(spark, path, **options):
    r = spark.read.format("hudi_py").option("path", path)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def _people(spark, n=60, ts=1, name="n"):
    return spark.createDataFrame(
        [(i, f"{name}{i}", ["a", "b", "c"][i % 3], ts) for i in range(n)],
        "id long, name string, city string, ts long",
    )


class TestCowInsert:
    def test_round_trip_both_read_paths(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        df = _people(spark)
        _write(df.repartition(3), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "hoodie.table.name": "people",
        })
        back = _load(spark, tdir)
        for c in ("_hoodie_commit_time", "_hoodie_record_key", "_hoodie_file_name"):
            assert c in back.columns
        want = sorted(map(tuple, df.collect()))
        got = sorted(map(tuple, back.select("id", "name", "city", "ts").collect()))
        assert got == want
        eager = HudiTable(tdir, spark).read()
        assert sorted(map(tuple, eager.select("id", "name", "city", "ts").collect())) == want

    def test_meta_columns_well_formed(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 20), tdir, **{"recordkey.field": "id"})
        rows = _load(spark, tdir).collect()
        instants = {r._hoodie_commit_time for r in rows}
        assert len(instants) == 1
        instant = next(iter(instants))
        assert len(instant) == 17 and instant.isdigit()
        for r in rows:
            assert r._hoodie_record_key == str(r.id)
            assert r._hoodie_file_name.endswith(f"_{instant}.parquet")
            assert r._hoodie_commit_seqno.startswith(instant + "_")
            assert r._hoodie_partition_path == ""

    def test_composite_record_key(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 10), tdir, **{"recordkey.field": "city,id"})
        r = _load(spark, tdir).filter(F.col("id") == 7).collect()[0]
        assert r._hoodie_record_key == "city:b,id:7"

    def test_partitioned_write_prunes(self, spark, tdir):
        _register(spark)
        _write(_people(spark), tdir, **{
            "recordkey.field": "id", "partitionpath.field": "city",
        })
        assert sorted(
            d for d in os.listdir(tdir) if not d.startswith(".")
        ) == ["city=a", "city=b", "city=c"]
        got = _load(spark, tdir).filter(F.col("city") == "b")
        assert got.count() == 20
        assert {r._hoodie_partition_path for r in got.collect()} == {"city=b"}

    def test_append_accumulates(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 10), tdir, **{"recordkey.field": "id"})
        more = spark.createDataFrame(
            [(100 + i, f"m{i}", "a", 2) for i in range(5)],
            "id long, name string, city string, ts long",
        )
        _write(more, tdir, **{"recordkey.field": "id"})
        assert _load(spark, tdir).count() == 15

    def test_overwrite_replaces_previous_file_groups(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 30), tdir, **{"recordkey.field": "id"})
        fresh = spark.createDataFrame(
            [(1000 + i, f"f{i}", "z", 9) for i in range(7)],
            "id long, name string, city string, ts long",
        )
        _write(fresh, tdir, mode="overwrite", **{"recordkey.field": "id"})
        ids = sorted(r.id for r in _load(spark, tdir).collect())
        assert ids == list(range(1000, 1007))
        # old slices still on storage for time travel before the replace
        t = HudiTable(tdir, spark)
        first = t.get_timeline().instants[0].timestamp
        assert _load(spark, tdir, asOf=first).count() == 30

    def test_sql_insert_into_view(self, spark, tdir):
        """SQL DDL + INSERT INTO through the connector: the Python Data
        Source writer serves SparkSQL inserts on a hudi_py view (the
        meta columns in the view schema are writer-owned — name the
        data columns in the INSERT)."""
        _register(spark)
        _write(_people(spark, 5), tdir, **{"recordkey.field": "id"})
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW writer_sql_t USING hudi_py "
            f"OPTIONS (path '{tdir}', `recordkey.field` 'id')"
        )
        spark.sql(
            "INSERT INTO writer_sql_t (id, name, city, ts) "
            "VALUES (100, 'sql', 'z', 9)"
        )
        rows = {r.id: r.name for r in spark.sql(
            "SELECT id, name FROM writer_sql_t"
        ).collect()}
        assert rows[100] == "sql" and len(rows) == 6
        r = spark.sql(
            "SELECT _hoodie_record_key FROM writer_sql_t WHERE id = 100"
        ).collect()[0]
        assert r._hoodie_record_key == "100"

    def test_dynamic_partition_overwrite(self, spark, tdir):
        """operation=insert_overwrite replaces only the partitions the
        incoming data touches; untouched partitions keep their groups
        (insert_overwrite_table replaces everything)."""
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 30), tdir, **{
            "recordkey.field": "id", "partitionpath.field": "city",
        })
        fresh = spark.createDataFrame(
            [(500 + i, f"f{i}", "a", 9) for i in range(4)],
            "id long, name string, city string, ts long",
        )
        _write(fresh, tdir, **{
            "recordkey.field": "id", "partitionpath.field": "city",
            "operation": "insert_overwrite",
        })
        rows = {r.id: r.city for r in _load(spark, tdir).collect()}
        # city=a fully replaced by the 4 fresh rows
        assert {k for k, v in rows.items() if v == "a"} == {500, 501, 502, 503}
        # city=b and city=c untouched
        assert {k for k, v in rows.items() if v == "b"} == {
            i for i in range(30) if i % 3 == 1
        }
        assert len(rows) == 24
        # time travel before the replace still sees the original city=a
        t = HudiTable(tdir, spark)
        first = t.get_timeline().instants[0].timestamp
        old = {r.id for r in _load(spark, tdir, asOf=first).collect()}
        assert old == set(range(30))

    def test_mismatched_append_rejected(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 5), tdir, **{"recordkey.field": "id"})
        with pytest.raises(Exception, match="record key mismatch"):
            _write(_people(spark, 5), tdir, **{"recordkey.field": "city"})


class TestMorUpsert:
    def _seed(self, spark, tdir, n=40):
        _register(spark)
        _write(_people(spark, n).repartition(2), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ",
        })

    def test_upsert_updates_inserts_precombine(self, spark, tdir):
        from hudi_rs_spark.write.upsert import upsert

        self._seed(spark, tdir)
        up = spark.createDataFrame(
            [(i, f"u{i}", ["a", "b", "c"][i % 3], 2) for i in range(10)]
            + [(5, "stale", "c", 0)]          # loses precombine to ts=2
            + [(100, "new", "a", 2)],
            "id long, name string, city string, ts long",
        )
        upsert(up, tdir)
        rows = {r.id: (r.name, r.ts) for r in _load(spark, tdir).collect()}
        assert len(rows) == 41
        assert rows[5] == ("u5", 2)
        assert rows[0] == ("u0", 2) and rows[20] == ("n20", 1)
        assert rows[100] == ("new", 2)

    def test_eager_and_connector_agree(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import upsert

        self._seed(spark, tdir)
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", "a", 2) for i in range(0, 40, 4)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        a = sorted(map(tuple, _load(spark, tdir).select("id", "name", "ts").collect()))
        b = sorted(
            map(tuple, HudiTable(tdir, spark).read().select("id", "name", "ts").collect())
        )
        assert a == b

    def test_delete(self, spark, tdir):
        from hudi_rs_spark.write.upsert import delete

        self._seed(spark, tdir)
        delete(
            spark.createDataFrame(
                [(i, None, None, 3) for i in range(5)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        ids = {r.id for r in _load(spark, tdir).collect()}
        assert ids == set(range(5, 40))

    def test_incremental_window_sees_only_upserted(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import upsert

        self._seed(spark, tdir)
        t = HudiTable(tdir, spark)
        first = t.get_timeline().instants[-1].timestamp
        upsert(
            spark.createDataFrame(
                [(3, "u3", "a", 2), (200, "new", "b", 2)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        inc = _load(spark, tdir, startTimestamp=first)
        assert sorted(r.id for r in inc.collect()) == [3, 200]

    def test_upsert_on_cow_rejected(self, spark, tdir):
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 5), tdir, **{"recordkey.field": "id"})
        with pytest.raises(Exception, match="MERGE_ON_READ"):
            upsert(_people(spark, 2, ts=2), tdir)


class TestCompaction:
    def test_snapshot_preserved_and_logs_absorbed(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 40).repartition(2), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", "a", 2) for i in range(0, 40, 4)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert compact(spark, tdir) == 2
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre
        slices = HudiTable(tdir, spark).get_file_slices()
        assert slices and all(not s.has_log_files for s in slices)
        # idempotent: nothing dirty -> no new instant
        assert compact(spark, tdir) == 0

    def test_time_travel_reaches_pre_compaction_slices(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 20), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(1, "v2", "a", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        instants = [i.timestamp for i in HudiTable(tdir, spark).get_timeline().instants]
        compact(spark, tdir)
        by_insert = {r.id: r.name for r in _load(spark, tdir, asOf=instants[0]).collect()}
        assert by_insert[1] == "n1"
        by_upsert = {r.id: r.name for r in _load(spark, tdir, asOf=instants[1]).collect()}
        assert by_upsert[1] == "v2"


class TestClustering:
    _OPTS = {"recordkey.field": "id", "precombine.field": "ts"}

    def _fragmented(self, spark, tdir, appends=3, rows=20):
        """COW table with ``appends`` separate commits -> many small
        file groups."""
        for a in range(appends):
            df = spark.createDataFrame(
                [(a * rows + i, f"n{a * rows + i}", ["a", "b"][i % 2], 1)
                 for i in range(rows)],
                "id long, name string, city string, ts long",
            )
            _write(df.repartition(2), tdir, **self._OPTS)

    def test_snapshot_invariant_and_groups_shrink(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        self._fragmented(spark, tdir)
        pre_slices = HudiTable(tdir, spark).get_file_slices()
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        replaced = cluster(spark, tdir, sort_columns=("id",))
        assert replaced == len(pre_slices)
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre
        post_slices = HudiTable(tdir, spark).get_file_slices()
        # one clustering group (output file) per partition dir
        assert len(post_slices) == len({s.partition_path for s in pre_slices})
        assert len(post_slices) < len(pre_slices)
        # idempotent: single group per partition -> nothing to do
        assert cluster(spark, tdir) == 0

    def test_sorted_output_enables_minmax_pruning(self, spark, tdir):
        import pyarrow.parquet as pq

        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        self._fragmented(spark, tdir)
        cluster(spark, tdir, sort_columns=("id",))
        for s in HudiTable(tdir, spark).get_file_slices():
            col = pq.read_table(
                os.path.join(tdir, s.base_file_relative_path()), columns=["id"]
            )["id"].to_pylist()
            assert col == sorted(col)

    def test_time_travel_before_clustering_sees_old_groups(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        self._fragmented(spark, tdir, appends=2)
        t = HudiTable(tdir, spark)
        pre_instants = [i.timestamp for i in t.get_timeline().instants]
        pre_files = {s.file_id for s in t.get_file_slices()}
        cluster(spark, tdir)
        at_pre = HudiTable(tdir, spark).get_file_slices(
            as_of_timestamp=pre_instants[-1]
        )
        assert {s.file_id for s in at_pre} == pre_files
        rows = _load(spark, tdir, asOf=pre_instants[0]).count()
        assert rows == 20  # first append only

    def test_mor_logs_absorbed_and_groups_bounded(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        for a in range(2):
            df = spark.createDataFrame(
                [(a * 20 + i, f"n{a * 20 + i}", "a", 1) for i in range(20)],
                "id long, name string, city string, ts long",
            )
            _write(df.repartition(2), tdir, **{
                **self._OPTS, "table.type": "MERGE_ON_READ",
            })
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", "a", 2) for i in range(0, 40, 5)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        # max_group_slices=2 with 4 file groups in one partition -> 2 groups
        replaced = cluster(spark, tdir, max_group_slices=2)
        assert replaced == 4
        post_slices = HudiTable(tdir, spark).get_file_slices()
        assert len(post_slices) == 2
        assert all(not s.has_log_files for s in post_slices)
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre

    def test_mdt_listing_tracks_clustering(self, spark, tdir):
        """direct vs MDT listing equality after a replacecommit — the
        same invariant TestWriterMdt pins for insert/upsert/compact."""
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        for a in range(2):
            df = spark.createDataFrame(
                [(a * 10 + i, f"n{a * 10 + i}", "a", 1) for i in range(10)],
                "id long, name string, city string, ts long",
            )
            _write(df.repartition(1), tdir, **{
                **self._OPTS, "table.version": "8", "metadata.enable": "true",
            })
        assert cluster(spark, tdir) == 2

        def key(sl):
            return (sl.partition_path, sl.file_id, sl.commit_timestamp)

        direct = HudiTable(tdir, spark, listing="direct").get_file_slices()
        mdt = HudiTable(tdir, spark, listing="mdt").get_file_slices()
        assert sorted(map(key, direct)) == sorted(map(key, mdt))
        assert len(direct) == 1


class TestWriterColumnStats:
    _OPTS = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.version": "8", "metadata.enable": "true",
        "metadata.columnstats.enable": "true",
    }

    def _skewed(self, spark, n=60):
        """city=a ids 0..n-1, city=b ids 1000..1000+n-1: disjoint ranges
        so both file- and partition-level pruning have something to cut."""
        rows = [(i, f"n{i}", "a", 1) for i in range(n)]
        rows += [(1000 + i, f"n{1000 + i}", "b", 1) for i in range(n)]
        return spark.createDataFrame(
            rows, "id long, name string, city string, ts long"
        )

    def test_stats_match_file_contents(self, spark, tdir):
        import glob

        import pyarrow.parquet as pq

        from hudi_rs_spark.metadata.column_stats import (
            read_column_stats,
            read_partition_stats,
        )

        _register(spark)
        _write(self._skewed(spark).repartition(4), tdir, **{
            **self._OPTS, "partitionpath.field": "city",
        })
        stats = read_column_stats(tdir)
        files = [
            p for p in glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True)
            if "/.hoodie/" not in p
        ]
        assert files
        for p in files:
            tbl = pq.read_table(p, columns=["id", "name"])
            entry = stats[os.path.basename(p)]
            assert entry["id"] == (
                min(tbl["id"].to_pylist()), max(tbl["id"].to_pylist())
            )
            assert entry["name"] == (
                min(tbl["name"].to_pylist()), max(tbl["name"].to_pylist())
            )
        pstats = read_partition_stats(tdir)
        assert pstats["city=a"]["id"] == (0, 59)
        assert pstats["city=b"]["id"] == (1000, 1059)

    def test_written_table_prunes_without_footers(self, spark, tdir, monkeypatch):
        from hudi_rs_spark import HudiReadOptions
        from hudi_rs_spark.plans.partition_pruner import Filter
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(
            self._skewed(spark).repartitionByRange(4, "id"), tdir, **self._OPTS
        )
        t = HudiTable(tdir, spark)
        filters = [Filter("id", ">=", "1000")]
        slices = t.get_file_slices(filters=filters)
        # stats come from the MDT: poison footer reads to prove it
        import pyarrow.parquet as pqmod

        real = pqmod.ParquetFile

        def guard(*a, **k):
            raise AssertionError("footer fallback used despite MDT stats")

        monkeypatch.setattr(pqmod, "ParquetFile", guard)
        pruned = t._stats_prune(
            slices, filters, HudiReadOptions(filters=[("id", ">=", "1000")])
        )
        monkeypatch.setattr(pqmod, "ParquetFile", real)
        assert 0 < len(pruned) < len(slices)
        got = sorted(
            r.id for r in _load(spark, tdir).filter(F.col("id") >= 1000).collect()
        )
        assert got == [1000 + i for i in range(60)]

    def test_partition_stats_prune_partitions(self, spark, tdir):
        from hudi_rs_spark.plans.partition_pruner import Filter
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(self._skewed(spark), tdir, **{
            **self._OPTS, "partitionpath.field": "city",
        })
        t = HudiTable(tdir, spark)
        all_slices = t.get_file_slices()
        hit = t.get_file_slices(filters=[Filter("id", ">=", "1000")])
        assert {s.partition_path for s in hit} == {"city=b"}
        assert len(hit) < len(all_slices)

    def test_upsert_widens_partition_union(self, spark, tdir):
        from hudi_rs_spark.metadata.column_stats import read_partition_stats
        from hudi_rs_spark.plans.partition_pruner import Filter
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(self._skewed(spark), tdir, **{
            **self._OPTS, "partitionpath.field": "city",
            "table.type": "MERGE_ON_READ",
        })
        # upsert pushes city=a ids FAR outside the seeded [0, 59] range
        upsert(
            spark.createDataFrame(
                [(50_000 + i, f"u{i}", "a", 2) for i in range(3)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        pstats = read_partition_stats(tdir)
        assert pstats["city=a"]["id"][1] >= 50_002  # union widened
        # and the planner must still see city=a for the new range
        t = HudiTable(tdir, spark)
        hit = t.get_file_slices(filters=[Filter("id", ">=", "50000")])
        assert "city=a" in {s.partition_path for s in hit}
        got = sorted(
            r.id for r in _load(spark, tdir).filter(F.col("id") >= 50_000).collect()
        )
        assert got == [50_000, 50_001, 50_002]

    def test_compaction_and_clustering_emit_stats(self, spark, tdir):
        from hudi_rs_spark.metadata.column_stats import read_column_stats
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(self._skewed(spark).repartition(2), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(1, "u1", "a", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        compact(spark, tdir)
        cluster(spark, tdir)
        stats = read_column_stats(tdir)
        for s in HudiTable(tdir, spark).get_file_slices():
            name = s.base_file.file_name
            assert name in stats and "id" in stats[name], name


class TestRecordIndexWriter:
    _OPTS = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.version": "8", "metadata.enable": "true",
        "metadata.recordindex.enable": "true",
    }

    def test_insert_indexes_every_key_and_point_lookup(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 40).repartition(3), tdir, **{
            **self._OPTS, "partitionpath.field": "city",
        })
        t = HudiTable(tdir, spark)
        slices = {(s.partition_path, s.file_id) for s in t.get_file_slices()}
        idx = read_record_index(tdir)
        assert set(idx) == {str(i) for i in range(40)}
        assert set(idx.values()) <= slices
        got = {r.id: r.name for r in t.point_lookup(["7", "23"]).collect()}
        assert got == {7: "n7", 23: "n23"}

    def test_mor_lifecycle_insert_update_delete(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.upsert import delete, upsert

        _register(spark)
        _write(_people(spark, 20).repartition(2), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        before = read_record_index(tdir)
        upsert(
            spark.createDataFrame(
                # update 3 (stays put), insert 100..102 (new group)
                [(3, "u3", "a", 2)]
                + [(100 + i, f"new{i}", "b", 2) for i in range(3)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        delete(
            spark.createDataFrame(
                [(5, None, None, 3)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        after = read_record_index(tdir)
        assert after["3"] == before["3"]  # update never moves a record
        assert {"100", "101", "102"} <= set(after)
        assert "5" not in after  # tombstoned
        rows = {r.id: r.name for r in _load(spark, tdir).collect()}
        assert rows[3] == "u3" and 5 not in rows and rows[100] == "new0"

    def test_upsert_tags_via_index_not_base_scan(self, spark, tdir, monkeypatch):
        """With the record index present, tagging must not scan base
        files' meta columns: poison spark.read.parquet to prove it."""
        import importlib

        upsert_mod = importlib.import_module("hudi_rs_spark.write.upsert")

        _register(spark)
        _write(_people(spark, 20).repartition(2), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })

        called = {"n": 0}
        orig = upsert_mod._record_index_tier

        def spy(spark_, table):
            out = orig(spark_, table)
            assert out is not None
            called["n"] += 1
            return out

        monkeypatch.setattr(upsert_mod, "_record_index_tier", spy)
        real_parquet = type(spark.read).parquet

        def poisoned(self_, *paths, **kw):
            if any(not p.rstrip("/").endswith(".hoodie") for p in paths):
                raise AssertionError(f"base-file tag scan used: {paths}")
            return real_parquet(self_, *paths, **kw)

        monkeypatch.setattr(type(spark.read), "parquet", poisoned)
        try:
            upsert_mod.upsert(
                spark.createDataFrame(
                    [(1, "via_idx", "a", 2)],
                    "id long, name string, city string, ts long",
                ),
                tdir,
            )
        finally:
            monkeypatch.setattr(type(spark.read), "parquet", real_parquet)
        assert called["n"] == 1
        rows = {r.id: r.name for r in _load(spark, tdir).collect()}
        assert rows[1] == "via_idx"

    def test_clustering_rewrites_locations(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        for a in range(2):
            df = spark.createDataFrame(
                [(a * 10 + i, f"n{a * 10 + i}", "a", 1) for i in range(10)],
                "id long, name string, city string, ts long",
            )
            _write(df.repartition(1), tdir, **self._OPTS)
        assert cluster(spark, tdir) == 2
        t = HudiTable(tdir, spark)
        live = {(s.partition_path, s.file_id) for s in t.get_file_slices()}
        idx = read_record_index(tdir)
        assert set(idx) == {str(i) for i in range(20)}
        assert set(idx.values()) <= live  # moved to the NEW group
        got = {r.id for r in t.point_lookup(["0", "19"]).collect()}
        assert got == {0, 19}

    def test_shard_count_pinned_across_appends(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.record_index import existing_shard_count

        _register(spark)
        _write(_people(spark, 10), tdir, **{
            **self._OPTS, "metadata.recordindex.shards": "2",
        })
        assert existing_shard_count(tdir) == 2
        # append WITHOUT index options: must auto-resolve enable + shards
        more = spark.createDataFrame(
            [(100 + i, f"m{i}", "a", 2) for i in range(5)],
            "id long, name string, city string, ts long",
        )
        _write(more, tdir, **{"recordkey.field": "id", "precombine.field": "ts"})
        assert existing_shard_count(tdir) == 2
        idx = read_record_index(tdir)
        assert {str(i) for i in range(10)} | {str(100 + i) for i in range(5)} == set(idx)
        # the appended DATA must be visible too — regression: a default
        # (v6) cfg on this v8 table would publish the commit into
        # .hoodie/ instead of .hoodie/timeline/ (invisible append)
        assert _load(spark, tdir).count() == 15


class TestRecordIndexPruning:
    _OPTS = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.version": "8", "metadata.enable": "true",
        "metadata.recordindex.enable": "true",
    }

    def test_connector_prunes_to_matching_slices(self, spark, tdir):
        from hudi_rs_spark.plans.partition_pruner import Filter
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.sources.pyds import _record_index_prune

        _register(spark)
        _write(_people(spark, 40).repartition(4), tdir, **{
            **self._OPTS, "partitionpath.field": "city",
        })
        t = HudiTable(tdir, spark)
        slices = t.get_file_slices()
        pruned = _record_index_prune(
            t, slices, [Filter("id", "IN", "", typed=(7, 23))]
        )
        assert 0 < len(pruned) < len(slices)
        # end to end through SQL: values correct
        got = sorted(
            r.id for r in _load(spark, tdir)
            .filter(F.col("id").isin(7, 23)).collect()
        )
        assert got == [7, 23]
        # a key that never existed prunes to nothing
        assert _record_index_prune(
            t, slices, [Filter("id", "=", "99999")]
        ) == []
        assert _load(spark, tdir).filter(F.col("id") == 99999).count() == 0

    def test_no_pruning_without_index_or_on_other_columns(self, spark, tdir):
        from hudi_rs_spark.plans.partition_pruner import Filter
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.sources.pyds import _record_index_prune

        _register(spark)
        _write(_people(spark, 10), tdir, **{"recordkey.field": "id"})
        t = HudiTable(tdir, spark)
        slices = t.get_file_slices()
        assert _record_index_prune(
            t, slices, [Filter("id", "=", "3")]
        ) == slices  # no index partition -> untouched
        _write(_people(spark, 10), str(tdir) + "_i", **self._OPTS)
        t2 = HudiTable(str(tdir) + "_i", spark)
        s2 = t2.get_file_slices()
        assert _record_index_prune(
            t2, s2, [Filter("name", "=", "n3")]
        ) == s2  # non-key column -> untouched

    def test_enable_on_existing_data_refused(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 10), tdir, **{
            "recordkey.field": "id", "table.version": "8",
            "metadata.enable": "true",
        })
        with pytest.raises(Exception, match="backfill"):
            _write(_people(spark, 5, name="x"), tdir, **{
                "recordkey.field": "id", "table.version": "8",
                "metadata.enable": "true",
                "metadata.recordindex.enable": "true",
            })

    def test_backfill_then_maintained(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.record_index import backfill_record_index
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 20).repartition(2), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ", "table.version": "8",
            "metadata.enable": "true",
        })
        upsert(
            spark.createDataFrame(
                [(1, "u1", "a", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        with pytest.raises(ValueError, match="compact"):
            backfill_record_index(spark, tdir)
        compact(spark, tdir)
        n = backfill_record_index(spark, tdir, shards=2)
        assert n > 0
        idx = read_record_index(tdir)
        assert set(idx) == {str(i) for i in range(20)}
        # later writes auto-maintain the backfilled index
        more = spark.createDataFrame(
            [(500, "new", "a", 3)], "id long, name string, city string, ts long"
        )
        upsert(more, tdir)
        assert "500" in read_record_index(tdir)


class TestSecondaryIndexWriter:
    _OPTS = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.version": "8", "metadata.enable": "true",
        "metadata.recordindex.enable": "true",
        "metadata.secondaryindex.columns": "city",
    }

    def test_insert_and_lookup(self, spark, tdir):
        from hudi_rs_spark.metadata.secondary_index import read_secondary_index
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 30).repartition(2), tdir, **self._OPTS)
        idx = read_secondary_index(tdir, "secondary_index_city")
        assert set(idx) == {"a", "b", "c"}
        assert idx["b"] == {str(i) for i in range(30) if i % 3 == 1}
        got = {r.id for r in HudiTable(tdir, spark)
               .lookup_by_secondary_key("city", ["b"]).collect()}
        assert got == {i for i in range(30) if i % 3 == 1}

    def test_value_change_never_returns_stale_rows(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 12).repartition(2), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(1, "moved", "zz", 2)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        t = HudiTable(tdir, spark)
        assert {r.id for r in t.lookup_by_secondary_key("city", ["zz"]).collect()} == {1}
        # the stale (b, 1) cell must not surface id=1 under its OLD value
        old = {r.id for r in t.lookup_by_secondary_key("city", ["b"]).collect()}
        assert 1 not in old
        assert old == {i for i in range(12) if i % 3 == 1 and i != 1}

    def test_deleted_rows_drop_out(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import delete

        _register(spark)
        _write(_people(spark, 12).repartition(2), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        delete(
            spark.createDataFrame(
                [(4, None, None, 3)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        got = {r.id for r in HudiTable(tdir, spark)
               .lookup_by_secondary_key("city", ["b"]).collect()}
        assert got == {1, 7, 10}

    def test_enable_on_existing_data_refused_then_backfilled(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.secondary_index import (
            backfill_secondary_index,
        )

        _register(spark)
        _write(_people(spark, 12), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.version": "8", "metadata.enable": "true",
            "metadata.recordindex.enable": "true",
        })
        with pytest.raises(Exception, match="backfill"):
            _write(_people(spark, 3, name="x"), tdir, **{
                "recordkey.field": "id", "table.version": "8",
                "metadata.enable": "true",
                "metadata.recordindex.enable": "true",
                "metadata.secondaryindex.columns": "city",
            })
        assert backfill_secondary_index(spark, tdir, "city") > 0
        got = {r.id for r in HudiTable(tdir, spark)
               .lookup_by_secondary_key("city", ["b"]).collect()}
        assert got == {i for i in range(12) if i % 3 == 1}
        # later writes auto-maintain the backfilled index
        _write(
            spark.createDataFrame(
                [(700, "m", "b", 2)], "id long, name string, city string, ts long"
            ),
            tdir, **{"recordkey.field": "id"},
        )
        got = {r.id for r in HudiTable(tdir, spark)
               .lookup_by_secondary_key("city", ["b"]).collect()}
        assert 700 in got

    def test_append_auto_resolves_indexed_columns(self, spark, tdir):
        from hudi_rs_spark.metadata.secondary_index import read_secondary_index

        _register(spark)
        _write(_people(spark, 6), tdir, **self._OPTS)
        more = spark.createDataFrame(
            [(100, "m", "qq", 2)], "id long, name string, city string, ts long"
        )
        _write(more, tdir, **{"recordkey.field": "id", "precombine.field": "ts"})
        idx = read_secondary_index(tdir, "secondary_index_city")
        assert idx.get("qq") == {"100"}


class TestCleanService:
    _MOR = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.type": "MERGE_ON_READ",
    }

    def _lifecycle(self, spark, tdir, mdt=False):
        """seed -> upsert (logs) -> compact: the seed slice becomes
        cleanable once the boundary passes the compaction."""
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        opts = dict(self._MOR)
        if mdt:
            opts.update({"table.version": "8", "metadata.enable": "true"})
        _write(_people(spark, 30).repartition(2), tdir, **opts)
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", "a", 2) for i in range(0, 30, 3)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        compact(spark, tdir)

    def test_old_slices_reclaimed_snapshot_invariant(self, spark, tdir):
        import glob

        from hudi_rs_spark.write.clean import clean

        _register(spark)
        self._lifecycle(spark, tdir)
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        files_before = len(glob.glob(os.path.join(tdir, "**", "*"), recursive=True))
        n = clean(tdir, retain_commits=1)
        assert n > 0
        files_after = len([
            p for p in glob.glob(os.path.join(tdir, "**", "*"), recursive=True)
            if "/.hoodie/" not in p and os.path.isfile(p)
        ])
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre
        assert files_after < files_before
        # idempotent + retention respected
        assert clean(tdir, retain_commits=1) == 0
        assert clean(tdir, retain_commits=10) == 0

    def test_replaced_groups_fully_reclaimed(self, spark, tdir):
        import glob

        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.clean import clean
        from hudi_rs_spark.write.cluster import cluster

        _register(spark)
        for a in range(2):
            df = spark.createDataFrame(
                [(a * 20 + i, f"n{a * 20 + i}", "a", 1) for i in range(20)],
                "id long, name string, city string, ts long",
            )
            _write(df.repartition(1), tdir, **{
                "recordkey.field": "id", "precombine.field": "ts",
            })
        old_fids = {s.file_id for s in HudiTable(tdir, spark).get_file_slices()}
        cluster(spark, tdir)
        pre = _load(spark, tdir).count()
        assert clean(tdir, retain_commits=1) > 0
        live = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True)
            if "/.hoodie/" not in p
        }
        for fid in old_fids:
            assert not any(f.startswith(fid) for f in live)
        assert _load(spark, tdir).count() == pre

    def test_mdt_listing_tracks_clean(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.clean import clean

        _register(spark)
        self._lifecycle(spark, tdir, mdt=True)
        assert clean(tdir, retain_commits=1) > 0

        def key(sl):
            return (
                sl.partition_path, sl.file_id, sl.commit_timestamp,
                tuple(sorted(lf.file_name for lf in sl.log_files)),
            )

        direct = HudiTable(tdir, spark, listing="direct").get_file_slices()
        mdt = HudiTable(tdir, spark, listing="mdt").get_file_slices()
        assert sorted(map(key, direct)) == sorted(map(key, mdt))


class TestSavepointRestore:
    _MOR = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.type": "MERGE_ON_READ",
    }

    def _lifecycle(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _write(_people(spark, 20).repartition(2), tdir, **self._MOR)
        upsert(
            spark.createDataFrame(
                [(1, "v2", "a", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        compact(spark, tdir)
        return [i.timestamp for i in HudiTable(tdir, spark).get_timeline().instants]

    def test_savepoint_survives_clean(self, spark, tdir):
        from hudi_rs_spark.write.clean import clean
        from hudi_rs_spark.write.savepoint import savepoint

        _register(spark)
        instants = self._lifecycle(spark, tdir)
        savepoint(tdir, instants[0])
        assert clean(tdir, retain_commits=1) == 0  # seed slice pinned
        by_seed = {r.id: r.name for r in _load(spark, tdir, asOf=instants[0]).collect()}
        assert by_seed[1] == "n1"  # pre-upsert state still served

    def test_clean_without_savepoint_reclaims(self, spark, tdir):
        from hudi_rs_spark.write.clean import clean

        _register(spark)
        self._lifecycle(spark, tdir)
        assert clean(tdir, retain_commits=1) > 0

    def test_restore_rewinds_and_reclaims(self, spark, tdir):
        import glob

        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.savepoint import restore, savepoint

        _register(spark)
        instants = self._lifecycle(spark, tdir)
        savepoint(tdir, instants[1])  # post-upsert, pre-compaction
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        removed = restore(tdir, instants[1])
        assert removed == [instants[2]]  # the compaction instant
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre  # compaction was transparent; rewind is too
        t = HudiTable(tdir, spark)
        assert [i.timestamp for i in t.get_timeline().instants] == instants[:2]
        # compaction's base files physically reclaimed
        names = [
            os.path.basename(p)
            for p in glob.glob(os.path.join(tdir, "*.parquet"))
        ]
        assert not any(instants[2] in n for n in names)
        # and the slices are log-backed again
        assert any(s.has_log_files for s in t.get_file_slices())

    def test_restore_refuses_without_savepoint(self, spark, tdir):
        from hudi_rs_spark.write.savepoint import restore

        _register(spark)
        instants = self._lifecycle(spark, tdir)
        with pytest.raises(ValueError, match="no savepoint"):
            restore(tdir, instants[0])
        # force path works and drops both later commits
        removed = restore(tdir, instants[0], force=True)
        assert removed == instants[1:]
        assert _load(spark, tdir).count() == 20
        assert {r.name for r in _load(spark, tdir).filter(F.col("id") == 1).collect()} == {"n1"}

    def test_restore_mdt_consistent(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.savepoint import restore, savepoint
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 20).repartition(2), tdir, **{
            **self._MOR, "table.version": "8", "metadata.enable": "true",
        })
        t = HudiTable(tdir, spark)
        first = t.get_timeline().instants[0].timestamp
        upsert(
            spark.createDataFrame(
                [(2, "v2", "a", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        savepoint(tdir, first)
        restore(tdir, first)

        def key(sl):
            return (
                sl.partition_path, sl.file_id, sl.commit_timestamp,
                tuple(sorted(lf.file_name for lf in sl.log_files)),
            )

        direct = HudiTable(tdir, spark, listing="direct").get_file_slices()
        mdt = HudiTable(tdir, spark, listing="mdt").get_file_slices()
        assert sorted(map(key, direct)) == sorted(map(key, mdt))
        assert {r.name for r in _load(spark, tdir).filter(F.col("id") == 2).collect()} == {"n2"}


class TestRollbackService:
    def test_orphan_base_file_removed(self, spark, tdir):
        import shutil as sh

        from hudi_rs_spark.write.rollback import rollback_failed_writes

        _register(spark)
        _write(_people(spark, 20), tdir, **{"recordkey.field": "id"})
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        # simulate a crashed write: a base file at an instant the
        # timeline never completed
        base = next(
            p for p in os.listdir(tdir)
            if p.endswith(".parquet") and not p.startswith(".")
        )
        fid = base.split("_")[0]
        orphan = f"{fid}_99-0-9_99990101000000000.parquet"
        sh.copy(os.path.join(tdir, base), os.path.join(tdir, orphan))
        assert sorted(
            map(tuple, _load(spark, tdir).select("id", "name").collect())
        ) == pre  # invisible before rollback
        rolled = rollback_failed_writes(tdir)
        assert rolled == ["99990101000000000"]
        assert not os.path.exists(os.path.join(tdir, orphan))
        assert rollback_failed_writes(tdir) == []
        assert sorted(
            map(tuple, _load(spark, tdir).select("id", "name").collect())
        ) == pre

    def test_orphan_log_blocks_voided_not_deleted(self, spark, tdir):
        import glob

        from hudi_rs_spark.write.logblocks import parquet_data_block
        from hudi_rs_spark.write.rollback import rollback_failed_writes
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 20), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(1, "u1", "b", 2)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        pre = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        logs = [
            p for p in glob.glob(os.path.join(tdir, "**", ".*.log.*"), recursive=True)
            if "/.hoodie/" not in p
        ]
        assert logs
        # crashed upsert: an orphan parquet data block appended to a
        # live log file
        orphan_ts = "99990101000000001"
        with open(logs[0], "ab") as f:
            f.write(parquet_data_block(orphan_ts, {
                "_hoodie_commit_time": [orphan_ts],
                "_hoodie_record_key": ["1"],
                "id": [1], "name": ["GHOST"], "city": ["b"], "ts": [9],
            }))
        rolled = rollback_failed_writes(tdir)
        assert rolled == [orphan_ts]
        assert os.path.exists(logs[0])  # mixed file kept, blocks voided
        post = sorted(map(tuple, _load(spark, tdir).select("id", "name").collect()))
        assert post == pre
        assert rollback_failed_writes(tdir) == []  # voided = settled

    def test_tmp_droppings_cleared(self, spark, tdir):
        from hudi_rs_spark.write.rollback import rollback_failed_writes
        from hudi_rs_spark.write.writer import timeline_dir
        from hudi_rs_spark.write.config import WriteConfig

        _register(spark)
        _write(_people(spark, 10), tdir, **{"recordkey.field": "id"})
        from hudi_rs_spark.config.table_config import HudiTableConfig

        tc = HudiTableConfig.from_base_path(tdir)
        tdir_timeline = timeline_dir(WriteConfig(
            path=tdir, table_name=tc.table_name,
            record_key_fields=("id",), precombine_field=None,
            partition_fields=(), table_type=tc.table_type.value,
            table_version=tc.table_version, instant="x", operation="insert",
        ))
        dropping = os.path.join(tdir_timeline, "crashed.commit.inflight.tmp")
        with open(dropping, "w") as f:
            f.write("{}")
        assert rollback_failed_writes(tdir) == []
        assert not os.path.exists(dropping)


class TestStreamingSink:
    def test_stream_keeps_indexes_widening(self, spark, tdir, tmp_path):
        """A stream into a stats/index-advertising table must resolve
        the emission flags like a batch append — otherwise the
        partition_stats union goes stale and exclusion pruning on the
        streamed values would be WRONG."""
        from hudi_rs_spark.metadata.column_stats import read_partition_stats
        from hudi_rs_spark.metadata.record_index import read_record_index

        _register(spark)
        _write(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(5)], "id long, val string"
            ),
            tdir,
            **{
                "recordkey.field": "id", "table.version": "8",
                "metadata.enable": "true",
                "metadata.columnstats.enable": "true",
                "metadata.recordindex.enable": "true",
            },
        )
        srcdir = str(tmp_path / "src")
        os.makedirs(srcdir, exist_ok=True)
        spark.createDataFrame(
            [(9000 + i, f"s{i}") for i in range(3)], "id long, val string"
        ).coalesce(1).write.mode("append").parquet(srcdir)
        stream = spark.readStream.schema("id long, val string").parquet(srcdir)
        q = (
            stream.writeStream.format("hudi_py")
            .option("path", tdir).option("recordkey.field", "id")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        idx = read_record_index(tdir)
        assert {"9000", "9001", "9002"} <= set(idx)
        pstats = read_partition_stats(tdir)
        assert pstats[""]["id"][1] >= 9002  # union widened by the stream

    def _sources(self, spark, tmp_path, batches=3, rows=10):
        srcdir = str(tmp_path / "src")
        os.makedirs(srcdir, exist_ok=True)
        for b in range(batches):
            spark.createDataFrame(
                [(b * rows + i, f"v{b}_{i}") for i in range(rows)],
                "id long, val string",
            ).coalesce(1).write.mode("append").parquet(srcdir)
        return spark.readStream.schema("id long, val string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(srcdir)

    def _run(self, stream, path, cp):
        q = (
            stream.writeStream.format("hudi_py")
            .option("path", path).option("recordkey.field", "id")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    def test_one_commit_per_microbatch(self, spark, tdir, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        stream = self._sources(spark, tmp_path)
        self._run(stream, tdir, str(tmp_path / "cp"))
        assert sorted(r.id for r in _load(spark, tdir).collect()) == list(range(30))
        instants = HudiTable(tdir, spark).get_timeline().instants
        assert len(instants) == 3
        metas = [
            (HudiTable(tdir, spark).get_timeline().metadata_for(i).raw
             .get("extraMetadata") or {}).get("streaming.batchId")
            for i in instants
        ]
        assert metas == ["0", "1", "2"]

    def test_restart_is_exactly_once_and_resumes(self, spark, tdir, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        stream = self._sources(spark, tmp_path)
        cp = str(tmp_path / "cp")
        self._run(stream, tdir, cp)
        self._run(stream, tdir, cp)  # replay window, no new data
        assert len(HudiTable(tdir, spark).get_timeline().instants) == 3
        assert _load(spark, tdir).count() == 30
        # late data picked up after restart
        spark.createDataFrame(
            [(100 + i, f"late{i}") for i in range(5)], "id long, val string"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        self._run(stream, tdir, cp)
        assert _load(spark, tdir).count() == 35

    def test_stream_hudi_stream_composes(self, spark, tdir, tmp_path):
        _register(spark)
        stream = self._sources(spark, tmp_path, batches=2)
        self._run(stream, tdir, str(tmp_path / "cp"))
        rs = spark.readStream.format("hudi_py").option("path", tdir).load()
        q = (
            rs.writeStream.format("memory").queryName("writer_echo")
            .option("checkpointLocation", str(tmp_path / "cp2"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert spark.sql("select count(*) c from writer_echo").collect()[0].c == 20


class TestWriterMdt:
    def _slice_key(self, sl):
        return (
            sl.partition_path, sl.file_id, sl.commit_timestamp,
            tuple(sorted(lf.file_name for lf in sl.log_files)),
        )

    def _assert_equal_listing(self, spark, path):
        from hudi_rs_spark.sources.hudi import HudiTable

        direct = HudiTable(path, spark, listing="direct").get_file_slices()
        mdt = HudiTable(path, spark, listing="mdt").get_file_slices()
        assert sorted(map(self._slice_key, direct)) == sorted(
            map(self._slice_key, mdt)
        )
        return len(direct)

    def test_listing_equality_through_lifecycle(self, spark, tdir):
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark).repartition(3), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "partitionpath.field": "city", "table.type": "MERGE_ON_READ",
            "table.version": "8", "metadata.enable": "true",
        })
        assert self._assert_equal_listing(spark, tdir) > 0
        upsert(
            spark.createDataFrame(
                [(i, f"u{i}", ["a", "b", "c"][i % 3], 2) for i in range(0, 60, 5)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        self._assert_equal_listing(spark, tdir)
        compact(spark, tdir)
        self._assert_equal_listing(spark, tdir)

    def test_mdt_snapshot_never_walks_data_tree(self, spark, tdir, monkeypatch):
        import hudi_rs_spark.fs.fs_view as fs_view
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark), tdir, **{
            "recordkey.field": "id", "partitionpath.field": "city",
            "table.version": "8", "metadata.enable": "true",
        })
        real = fs_view.list_data_files

        def guard(base_path):
            if not base_path.rstrip("/").endswith("/.hoodie/metadata"):
                raise AssertionError(f"data-table storage walk: {base_path}")
            return real(base_path)

        monkeypatch.setattr(fs_view, "list_data_files", guard)
        t = HudiTable(tdir, spark, listing="mdt")
        assert len(t.get_file_slices()) > 0

    def test_snapshot_equal_via_both_listings(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark), tdir, **{
            "recordkey.field": "id", "partitionpath.field": "city",
            "table.version": "8", "metadata.enable": "true",
        })
        a = sorted(map(tuple, HudiTable(tdir, spark, listing="direct").read()
                       .select("id", "name", "ts").collect()))
        b = sorted(map(tuple, HudiTable(tdir, spark, listing="mdt").read()
                       .select("id", "name", "ts").collect()))
        assert a == b and len(a) == 60


class TestSchemaEvolutionViaWriter:
    def test_added_column_backfills_nulls(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 10), tdir, **{"recordkey.field": "id"})
        evolved = spark.createDataFrame(
            [(100 + i, f"e{i}", "a", 2, float(i)) for i in range(5)],
            "id long, name string, city string, ts long, score double",
        )
        _write(evolved, tdir, **{"recordkey.field": "id"})
        back = _load(spark, tdir)
        assert "score" in back.columns
        rows = {r.id: r.score for r in back.collect()}
        assert len(rows) == 15
        assert rows[3] is None and rows[102] == 2.0

    def test_commit_metadata_carries_avro_schema(self, spark, tdir):
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 5), tdir, **{"recordkey.field": "id"})
        sj = HudiTable(tdir, spark).schema_json()
        assert sj is not None
        names = [f["name"] for f in sj["fields"]]
        assert names == ["id", "name", "city", "ts"]


class TestHFileWriter:
    def test_round_trip_indexed(self):
        from hudi_rs_spark.hfile.reader import HFile
        from hudi_rs_spark.hfile.writer import build_hfile

        recs = [(f"k{i:05d}".encode(), f"v{i}".encode() * 40) for i in range(400)]
        schema = {"type": "record", "name": "r", "fields": []}
        data = build_hfile(
            recs, {"schema": json.dumps(schema).encode()}, block_size=2048
        )
        hf = HFile(data)
        assert list(hf.records()) == sorted(recs)
        assert hf.avro_schema() == schema
        assert len(hf._data_block_index()) > 3
        got = hf.lookup_records(["k00007", "k00399", "absent"])
        assert got[b"k00007"] == b"v7" * 40 and b"absent" not in got
        assert [k for k, _ in hf.records_by_prefix("k0001")] == [
            f"k{i:05d}".encode() for i in range(10, 20)
        ]

    def test_indexed_lookup_decodes_few_blocks(self):
        from hudi_rs_spark.hfile.reader import HFile
        from hudi_rs_spark.hfile.writer import build_hfile

        recs = [(f"k{i:05d}".encode(), b"x" * 64) for i in range(2000)]
        hf = HFile(build_hfile(recs, block_size=1024))
        hf._data_block_index()
        before = hf.n_blocks_decoded
        hf.lookup_records(["k01000"])
        assert hf.n_blocks_decoded - before <= 2


class TestV9Writer:
    """v9 write support (VERDICT r8 stretch #8): parquet v9 tables with
    the completion-time timeline, v9 property names
    (hoodie.table.ordering.fields, hoodie.table.format=native), and the
    full MOR lifecycle readable through both read paths."""

    _OPTS = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.version": "9",
    }

    def test_v9_props_and_round_trip(self, spark, tdir):
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 24).repartition(2), tdir, **self._OPTS)
        tc = HudiTableConfig.from_base_path(tdir)
        assert tc.table_version == 9
        assert tc.timeline_layout_version == 2
        assert tc.props["hoodie.table.format"] == "native"
        assert tc.props["hoodie.table.ordering.fields"] == "ts"
        assert "hoodie.table.precombine.field" not in tc.props
        assert tc.ordering_fields == ["ts"]  # reader resolves the v9 key
        # completion-time commit naming under .hoodie/timeline
        names = os.listdir(os.path.join(tdir, ".hoodie", "timeline"))
        commits = [n for n in names if n.endswith(".commit")]
        assert commits and all(
            len(n.split(".")[0].split("_")) == 2 for n in commits
        )
        want = sorted(map(tuple, _people(spark, 24).collect()))
        got = sorted(map(tuple,
                         _load(spark, tdir).select("id", "name", "city", "ts").collect()))
        assert got == want
        assert sorted(map(tuple,
                          HudiTable(tdir, spark).read()
                          .select("id", "name", "city", "ts").collect())) == want

    def test_v9_mor_upsert_lifecycle(self, spark, tdir):
        """Upserts honor the v9 ordering field; appends inherit v9 from
        the table (authoritative table_version)."""
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.write.upsert import delete, upsert

        _register(spark)
        _write(_people(spark, 12), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        upsert(
            spark.createDataFrame(
                [(3, "u3", "a", 9), (100, "new", "b", 9)],
                "id long, name string, city string, ts long",
            ),
            tdir,
        )
        # a LOWER ordering value must lose the merge (v9 ordering.fields)
        upsert(
            spark.createDataFrame(
                [(3, "stale", "a", 1)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        delete(
            spark.createDataFrame(
                [(5, None, None, 10)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        assert HudiTableConfig.from_base_path(tdir).table_version == 9
        rows = {r.id: r.name for r in _load(spark, tdir).collect()}
        assert rows[3] == "u3" and rows[100] == "new" and 5 not in rows

    def test_v9_time_travel_and_compaction(self, spark, tdir):
        from hudi_rs_spark.config.read_config import HudiReadOptions
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.compact import compact
        from hudi_rs_spark.write.upsert import upsert

        _register(spark)
        _write(_people(spark, 10), tdir, **{
            **self._OPTS, "table.type": "MERGE_ON_READ",
        })
        t0 = HudiTable(tdir, spark)
        first = t0.timeline.instants[0].timestamp
        upsert(
            spark.createDataFrame(
                [(0, "v2", "a", 8)], "id long, name string, city string, ts long"
            ),
            tdir,
        )
        assert compact(spark, tdir) >= 1
        t = HudiTable(tdir, spark)
        snap = {r.id: r.name for r in t.read().collect()}
        assert snap[0] == "v2"
        old = {
            r.id: r.name
            for r in t.read(HudiReadOptions(as_of_timestamp=first)).collect()
        }
        assert old[0] == "n0"  # pre-upsert state reachable

    def test_v9_with_mdt_and_indexes(self, spark, tdir):
        from hudi_rs_spark.metadata.record_index import read_record_index
        from hudi_rs_spark.sources.hudi import HudiTable

        _register(spark)
        _write(_people(spark, 15).repartition(2), tdir, **{
            **self._OPTS, "metadata.enable": "true",
            "metadata.recordindex.enable": "true",
        })
        assert set(read_record_index(tdir)) == {str(i) for i in range(15)}
        got = {r.id for r in HudiTable(tdir, spark).point_lookup(["7"]).collect()}
        assert got == {7}


class TestDeleteOnlySchema:
    def test_keys_only_delete_does_not_narrow_schema(self, spark, tdir):
        """A delete-only commit's tombstone frame (key + precombine only)
        must not become the table's latest schema — deletes never evolve
        schema, and a narrowed latest schema would drop every data
        column from later snapshots."""
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.upsert import delete

        _register(spark)
        _write(_people(spark, 20), tdir, **{
            "recordkey.field": "id", "precombine.field": "ts",
            "table.type": "MERGE_ON_READ",
        })
        delete(
            spark.createDataFrame([(3, 9)], "id long, ts long"), tdir
        )
        t = HudiTable(tdir, spark)
        df = t.read()
        assert {"id", "name", "city", "ts"} <= set(df.columns)
        rows = {r.id: r.name for r in df.collect()}
        assert 3 not in rows and rows[4] == "n4" and len(rows) == 19


class TestUntaggedUpsertGuard:
    """operation=upsert through the raw DataFrame writer is rejected on
    a non-empty table: the sink API sees rows, not the table index, so
    untagged "upserts" would land in NEW file groups and silently
    duplicate every existing key (found via SQL-time-travel test in
    r13). Fresh tables stay legal (upsert == insert there); the
    write.upsert API — which tags — is unaffected."""

    MOR = {
        "recordkey.field": "id", "precombine.field": "ts",
        "table.type": "MERGE_ON_READ",
    }

    def test_untagged_upsert_on_nonempty_table_raises(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 10), tdir, **self.MOR)
        with pytest.raises(Exception, match="write.upsert"):
            _write(
                _people(spark, 5, ts=2, name="upd"), tdir,
                operation="upsert", **self.MOR,
            )
        # no duplicate keys, no stale claim blocking the next write
        from hudi_rs_spark.sources.hudi import HudiTable

        assert HudiTable(tdir, spark).read().count() == 10
        from hudi_rs_spark.write.upsert import upsert

        upsert(_people(spark, 5, ts=2, name="upd"), tdir)
        rows = {r.id: r.name for r in HudiTable(tdir, spark).read().collect()}
        assert len(rows) == 10 and rows[0] == "upd0" and rows[9] == "n9"

    def test_fresh_table_upsert_degrades_to_insert(self, spark, tdir):
        _register(spark)
        _write(_people(spark, 8), tdir, operation="upsert", **self.MOR)
        from hudi_rs_spark.sources.hudi import HudiTable

        assert HudiTable(tdir, spark).read().count() == 8


class TestBulkInsert:
    @pytest.fixture(autouse=True)
    def _reg(self, spark):
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        spark.dataSource.register(HudiPyDataSource)

    def _df(self, spark, n=40):
        return spark.createDataFrame(
            [(i, f"n{i}", ["a", "b"][i % 2], 1) for i in range(n)],
            "id long, name string, part string, ts long",
        )

    def test_global_sort_layout_and_metadata(self, spark, tmp_path):
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write import bulk_insert

        t = str(tmp_path / "t")
        bulk_insert(
            self._df(spark).repartition(8), t,
            **{
                "recordkey.field": "id", "precombine.field": "ts",
                "partitionpath.field": "part",
                "table.type": "MERGE_ON_READ", "table.version": "8",
            },
        )
        table = HudiTable(t, spark)
        rows = table.read().select("id", "name").collect()
        assert len(rows) == 40
        # operationType recorded
        tl = table.timeline
        inst = max(tl.instants, key=lambda i: i.timestamp)
        assert tl.metadata_for(inst).operation_type == "BULK_INSERT" or \
            tl.metadata_for(inst).operation_type == "bulk_insert"
        # global sort: within each base file the keys are CONTIGUOUS —
        # file key-ranges never overlap inside a partition
        import pyarrow.parquet as pq

        by_part: dict[str, list[tuple[int, int]]] = {}
        for sl in table.get_file_slices():
            if not sl.base_file:
                continue
            rel = (
                f"{sl.partition_path}/{sl.base_file.file_name}"
                if sl.partition_path else sl.base_file.file_name
            )
            ids = pq.read_table(f"{t}/{rel}", columns=["id"])["id"].to_pylist()
            assert ids == sorted(ids)  # sorted inside the file
            by_part.setdefault(sl.partition_path, []).append(
                (min(ids), max(ids))
            )
        for spans in by_part.values():
            spans.sort()
            for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
                assert hi1 <= lo2  # no overlap between files

    def test_append_to_existing_inherits_identity(self, spark, tmp_path):
        from hudi_rs_spark.write import bulk_insert

        t = str(tmp_path / "t")
        bulk_insert(
            self._df(spark, 10), t,
            **{
                "recordkey.field": "id", "precombine.field": "ts",
                "partitionpath.field": "part",
                "table.type": "MERGE_ON_READ", "table.version": "8",
            },
        )
        # second load: nothing but the path (identity inherited)
        bulk_insert(
            spark.createDataFrame(
                [(100 + i, f"m{i}", "a", 1) for i in range(5)],
                "id long, name string, part string, ts long",
            ),
            t,
        )
        n = (
            spark.read.format("hudi_py").option("path", t).load().count()
        )
        assert n == 15

    def test_bad_sort_mode_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from hudi_rs_spark.write import bulk_insert

        with _pytest.raises(ValueError, match="sort mode"):
            bulk_insert(
                self._df(spark, 2), str(tmp_path / "t"),
                sort_mode="SHUFFLE",
            )


def test_clean_tombstones_reach_the_mdt_with_the_table_storage_options(
    tmp_path, monkeypatch
):
    """A clean's MDT init and appends resolve storage with the table's
    own ``storage.*`` options: an options-less lookup would get the most
    recently primed handle for the bucket, not this table's."""
    import hudi_rs_spark.write.mdt as mdt_mod
    from hudi_rs_spark.write.config import WriteConfig

    cfg = WriteConfig.from_options(
        {"path": str(tmp_path / "t"), "recordkey.field": "id",
         "storage.token": "t1"}
    )
    seen = []
    real = mdt_mod._fs

    def recording(path, options=None):
        seen.append(options)
        return real(path, options)

    monkeypatch.setattr(mdt_mod, "_fs", recording)
    mdt_mod.apply_deletions_to_mdt(cfg, {"p=a": ["f1_0-0-0_001.parquet"]})
    assert seen and all(o == {"token": "t1"} for o in seen), seen
