"""One base-file finisher: the batch writer's insert flush, compaction,
clustering and the bucket services write every new base file through
``write/worklist.py::finish_base_file``, which also emits the file's
side records — its column_stats entry, its bloom blob and the
record-index relocation of its keys.

The service test runs each base-file rewriting service on a MOR table
with column stats, bloom filters and the record index, and checks that
every new base file has both MDT entries and that every key resolves
through the record index to the file group that now holds it. The AST
guard pins where base files and their side records are built."""

from __future__ import annotations

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hudi_rs_spark"
# guarded call -> the (module, enclosing function) sites allowed to make it
ALLOWED = {
    "write_base_file": {("write/worklist.py", "finish_base_file")},
    "compute_column_stats": {
        ("write/worklist.py", "finish_base_file"),
        # upserted log values widen the partition_stats union
        ("write/writer.py", "_flush_log_group"),
    },
    "build_bloom": {
        ("write/worklist.py", "finish_base_file"),
        # the backfill indexes base files that already exist
        ("write/mdt_bloom.py", "bloom_one"),
    },
    # the task token is built from the task context in one place
    "attemptNumber": {("write/worklist.py", "task_token")},
}
SERVICES = [
    "compact", "cluster", "convert_to_bucket", "split_buckets",
    "merge_buckets",
]
SCHEMA = "id long, name string, qty int, ts long, part string"
OPTS = {
    "hoodie.table.name": "fin", "recordkey.field": "id",
    "precombine.field": "ts", "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ", "table.version": "8",
    "metadata.enable": "true", "metadata.columnstats.enable": "true",
    "metadata.bloomfilter.enable": "true",
    "metadata.recordindex.enable": "true",
}
N = 40


# ---------------------------------------------------------------------------
# structure: who writes base files and builds their side records
# ---------------------------------------------------------------------------
def _calls():
    """(name, module, enclosing function) of every call to one of the
    guarded functions in the package."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        module = path.relative_to(PACKAGE).as_posix()

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None
                )
                if name in ALLOWED:
                    hits.append((name, module, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return hits


def test_base_files_and_side_records_built_only_in_the_finisher():
    hits = _calls()
    outside = [h for h in hits if (h[1], h[2]) not in ALLOWED[h[0]]]
    assert not outside, f"write base files through finish_base_file: {outside}"
    for name, sites in ALLOWED.items():
        assert {(m, f) for n, m, f in hits if n == name} == sites, name


# ---------------------------------------------------------------------------
# every service's new base files carry their side records
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def _registered(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)
    return spark


def _seed(spark, path):
    """Two partitions, several file groups, then an upsert that leaves
    log files (so every group is compaction- and clustering-dirty)."""
    from hudi_rs_spark.write.upsert import upsert

    rows = [
        (i, f"n{i}", None if i % 5 == 0 else i, 1, "a" if i % 2 else "b")
        for i in range(N)
    ]
    w = spark.createDataFrame(rows, SCHEMA).repartition(3).write
    w = w.format("hudi_py").option("path", path)
    for k, v in OPTS.items():
        w = w.option(k, v)
    w.mode("append").save()
    upsert(
        spark.createDataFrame(
            [(i, f"u{i}", i, 2, "a" if i % 2 else "b") for i in range(0, N, 3)],
            SCHEMA,
        ),
        path,
    )


def _base_files(path):
    from hudi_rs_spark.sources.hudi import HudiTable

    return {
        s.base_file.file_name
        for s in HudiTable(path, spark=None, listing="direct").get_file_slices()
        if s.base_file is not None
    }


def _snapshot(spark, path):
    """{key: (partition, file name, data row)} of the current snapshot."""
    from hudi_rs_spark.sources.hudi import HudiTable

    return {
        r._hoodie_record_key: (
            r._hoodie_partition_path,
            r._hoodie_file_name,
            (r.id, r.name, r.qty, r.ts, r.part),
        )
        for r in HudiTable(path, spark).read().collect()
    }


def _run(service, spark, path):
    from hudi_rs_spark.write import bucket
    from hudi_rs_spark.write.cluster import cluster
    from hudi_rs_spark.write.compact import compact

    if service == "compact":
        return compact(spark, path)
    if service == "cluster":
        return cluster(spark, path)
    if service == "convert_to_bucket":
        return bucket.convert_to_bucket(spark, path, 2)
    if service == "split_buckets":
        return bucket.split_buckets(spark, path, [(0, None), (1, None)])
    return bucket.merge_buckets(spark, path, 0, 2)


@pytest.mark.slow
@pytest.mark.parametrize("service", SERVICES)
def test_new_base_files_carry_side_records(_registered, tmp_path, service):
    from hudi_rs_spark.fs.file_group import BaseFile
    from hudi_rs_spark.metadata.bloom_filters import read_bloom_filters
    from hudi_rs_spark.metadata.column_stats import read_column_stats
    from hudi_rs_spark.metadata.record_index import read_record_index
    from hudi_rs_spark.sources.hudi import HudiTable

    spark = _registered
    path = str(tmp_path / "t")
    _seed(spark, path)
    rows_before = {k: v[2] for k, v in _snapshot(spark, path).items()}
    # the split and merge inputs: a bucket table, then its split leaves
    for setup in SERVICES[2:SERVICES.index(service)]:
        _run(setup, spark, path)
    before = _base_files(path)
    assert _run(service, spark, path) > 0
    new = _base_files(path) - before
    assert new, f"{service} wrote no base file"

    stats = read_column_stats(path)
    blooms = read_bloom_filters(path)
    assert not [f for f in new if f not in stats], "column_stats entry missing"
    assert not [f for f in new if f not in blooms], "bloom entry missing"

    # every row now sits in a base file; the index points at its group
    snap = _snapshot(spark, path)
    assert {k: v[2] for k, v in snap.items()} == rows_before
    index = read_record_index(path)
    assert {k: index.get(k) for k in snap} == {
        k: (part, BaseFile.parse(name).file_id)
        for k, (part, name, _row) in snap.items()
    }
    looked_up = {
        r._hoodie_record_key: (r.id, r.name, r.qty, r.ts, r.part)
        for r in HudiTable(path, spark).point_lookup(list(snap)).collect()
    }
    assert looked_up == rows_before
