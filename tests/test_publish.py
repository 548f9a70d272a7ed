"""One locked publish path: every data-timeline committer publishes
through ``write/concurrency.py::publish``, which loads the table, checks
conflicts, publishes and applies the MDT under the table commit lock.

A service that checked conflicts and then published without the lock
left a window in which a batch upsert could land on a file group the
service was rewriting; the service's new base (or replacement) then hid
the upsert — a lost update. The race tests drive a concurrent upsert
into that window (``after_check``) and into the earlier planning window
(``before_check``): the upserted value must survive, or the upsert must
fail loudly with ``ConcurrentWriteError``."""

from __future__ import annotations

import ast
import os
import pathlib
import threading

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hudi_rs_spark"
COMMIT_CALLS = ("commit_instant", "check_commit_conflicts", "commit_lock")
SCHEMA = "id long, name string, ts long"
OPTS = {
    "recordkey.field": "id", "precombine.field": "ts",
    "table.type": "MERGE_ON_READ",
}
RACE_KEY = 3


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark.dataSource.register(HudiPyDataSource)


def _seed(spark, path):
    """10 rows in two file groups, then an upsert of every key that
    leaves a log file on both groups (so both are compaction- and
    clustering-dirty)."""
    from hudi_rs_spark.write.upsert import upsert

    df = spark.createDataFrame(
        [(i, f"n{i}", 1) for i in range(10)], SCHEMA
    ).repartition(2)
    w = df.write.format("hudi_py").option("path", path)
    for k, v in OPTS.items():
        w = w.option(k, v)
    w.mode("append").save()
    upsert(
        spark.createDataFrame([(i, f"u{i}", 5) for i in range(10)], SCHEMA),
        path,
    )


def _racing_upsert(spark, path):
    from hudi_rs_spark.write.upsert import upsert

    upsert(spark.createDataFrame([(RACE_KEY, "race", 9)], SCHEMA), path)


def _run_service(service, spark, path):
    if service == "compact":
        from hudi_rs_spark.write.compact import compact

        return compact(spark, path)
    from hudi_rs_spark.write.cluster import cluster

    return cluster(spark, path)


def _rows(spark, path):
    from hudi_rs_spark.sources.hudi import HudiTable

    t = HudiTable(path, spark)
    return {r.id: r.name for r in t.read().collect()}, t


# ---------------------------------------------------------------------------
# the race: a service rewriting the file group a concurrent upsert updates
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("race_point", ["before_check", "after_check"])
@pytest.mark.parametrize("service", ["compact", "cluster"])
def test_racing_upsert_is_never_lost(
    spark, tmp_path, monkeypatch, service, race_point
):
    import hudi_rs_spark.write.worklist as worklist_mod
    import hudi_rs_spark.write.writer as writer_mod
    from hudi_rs_spark.write.concurrency import ConcurrentWriteError

    path = str(tmp_path / "t")
    _seed(spark, path)
    service_action = "commit" if service == "compact" else "replacecommit"
    upsert_errors: list[Exception] = []

    def race():
        try:
            _racing_upsert(spark, path)
        except ConcurrentWriteError as e:
            upsert_errors.append(e)

    if race_point == "before_check":
        # the upsert lands after the service planned its slices and
        # before its tasks run: the conflict check must catch it
        real_tasks = worklist_mod.run_slice_tasks

        def racing_tasks(*a, **k):
            race()
            return real_tasks(*a, **k)

        monkeypatch.setattr(worklist_mod, "run_slice_tasks", racing_tasks)
        with pytest.raises(ConcurrentWriteError, match="conflict"):
            _run_service(service, spark, path)
        monkeypatch.undo()
        rows, t = _rows(spark, path)
        assert not upsert_errors
        assert rows[RACE_KEY] == "race"
        assert service_action not in [i.action.value for i in t.timeline.instants]
        # a clean retry (no race) succeeds and changes no value
        assert _run_service(service, spark, path) > 0
        assert _rows(spark, path)[0] == rows
        return

    # after_check: the upsert runs while the service is about to publish
    # (past its conflict check). Under the commit lock it cannot commit
    # until the service has published, and then conflicts; without the
    # lock it commits in between and the service's publish hides it.
    real_commit = writer_mod.commit_instant
    racer = threading.Thread(target=race, daemon=True)

    def racing_commit(*a, **k):
        monkeypatch.setattr(writer_mod, "commit_instant", real_commit)
        racer.start()
        racer.join(timeout=10)
        return real_commit(*a, **k)

    monkeypatch.setattr(writer_mod, "commit_instant", racing_commit)
    assert _run_service(service, spark, path) > 0
    racer.join(timeout=120)
    assert not racer.is_alive()
    monkeypatch.undo()
    rows, _ = _rows(spark, path)
    assert rows[RACE_KEY] == "race" or upsert_errors, (
        f"the racing upsert committed and was lost: id={RACE_KEY} reads "
        f"{rows[RACE_KEY]!r}"
    )


# ---------------------------------------------------------------------------
# a failed publish leaves none of its files behind
# ---------------------------------------------------------------------------
def test_bucket_conversion_conflict_reclaims_its_files(
    spark, tmp_path, monkeypatch
):
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.bucket import convert_to_bucket
    from hudi_rs_spark.write.concurrency import ConcurrentWriteError
    from hudi_rs_spark.write.config import new_instant

    path = str(tmp_path / "t")
    _seed(spark, path)
    real_read = HudiTable.read

    def racing_read(self, *a, **k):
        # the conversion has captured its read point and claimed its
        # instant; a commit to its source groups lands now
        monkeypatch.setattr(HudiTable, "read", real_read)
        _racing_upsert(spark, path)
        return real_read(self, *a, **k)

    monkeypatch.setattr(HudiTable, "read", racing_read)
    instant = new_instant()
    with pytest.raises(ConcurrentWriteError, match="conflict"):
        convert_to_bucket(spark, path, 2, instant=instant)
    monkeypatch.undo()
    left = [
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if instant in n
    ]
    assert not left, f"files of the failed instant remain: {left}"
    assert _rows(spark, path)[0][RACE_KEY] == "race"


# ---------------------------------------------------------------------------
# structure: one caller each for the lock, the check and the publish
# ---------------------------------------------------------------------------
def _commit_calls():
    """(name, file, line, enclosing function) of every call to one of
    ``COMMIT_CALLS`` in the package."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None
                )
                if name in COMMIT_CALLS:
                    hits.append(
                        (name, path.relative_to(PACKAGE), node.lineno, func)
                    )
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return hits


def test_commit_calls_only_inside_publish():
    hits = _commit_calls()
    assert sorted(h[0] for h in hits) == sorted(COMMIT_CALLS), (
        f"each of {COMMIT_CALLS} must have exactly one caller: {hits}"
    )
    outside = [h for h in hits if h[3] != "publish"]
    assert not outside, f"commit through concurrency.publish: {outside}"
