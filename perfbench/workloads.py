"""The benchmark's workloads. Each is one closed loop: a single client
sends one operation at a time through the engine's public API and checks
every result against the generator model before sending the next.

- ``mor_scan``: full-table reads of a merge-on-read table whose file
  slices each carry a log file of updates and deletes, so log decode and
  record merge do most of the work.
- ``upsert_ingest``: fixed-size upsert and delete batches, each followed
  by a small read of the commit it just made, so the write path does most
  of the work.

A workload's ops come in rounds (``round``), a generator that yields after
each op, so the loop can stop on any op boundary. Set-up builds the table,
then warms up: each surface the timed ops use runs once, untimed and
checked, so its one-time cost (Python worker imports, JIT) lands in set-up
and the timed ops are warm. The warm-up ops run at once, one thread each,
so those one-time costs overlap; the timed ops always run one at a time.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback

from perfbench.model import COLUMNS, TableModel, digest, digest_columns

# Table shapes per scale. "tiny" is the self-check's size.
SCALES = {
    "mor_scan": {
        "full": dict(rows=16000, partitions=8, upsert_frac=0.10,
                     delete_frac=0.02),
        "tiny": dict(rows=600, partitions=4, upsert_frac=0.10,
                     delete_frac=0.02),
    },
    "upsert_ingest": {
        "full": dict(rows=4000, partitions=8, batch=200,
                     insert_frac=0.2, delete_batch=40, recent_window=1000,
                     recent_bias=0.8, retain_commits=3, lookup_keys=10),
        "tiny": dict(rows=400, partitions=4, batch=20,
                     insert_frac=0.2, delete_batch=5, recent_window=50,
                     recent_bias=0.8, retain_commits=2, lookup_keys=5),
    },
}

# the public Hudi soft-delete marker: an upsert row with it set is a delete
DELETE_COL = "_hoodie_is_deleted"

WRITE_OPTIONS = {
    "recordkey.field": "id",
    "precombine.field": "ts",
    "partitionpath.field": "part",
    "table.type": "MERGE_ON_READ",
    "table.version": "8",
    "metadata.enable": "true",
    "metadata.columnstats.enable": "true",
    "metadata.recordindex.enable": "true",
}


def _schema(with_delete: bool = False):
    from pyspark.sql import types as T

    fields = [
        T.StructField("id", T.LongType(), False),
        T.StructField("part", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("val", T.DoubleType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
    if with_delete:
        fields.append(T.StructField(DELETE_COL, T.BooleanType(), False))
    return T.StructType(fields)


def arrow_bytes(rows) -> int:
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [[] for _ in COLUMNS]
    return pa.table({c: list(v) for c, v in zip(COLUMNS, cols)}).nbytes


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    """Shared machinery: op timing, result checks, trace bookkeeping."""

    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.cfg = SCALES[self.name][scale]
        self.path = os.path.join(work, "tables", self.name)
        self.model = TableModel(seed, self.cfg["partitions"])
        self.ops: list[dict] = []
        self.warming = False

    def setup(self) -> None:
        """Build the table, then warm up (see the module docstring)."""
        self.build()
        self.warming = True
        try:
            self.warm_up()
        finally:
            self.warming = False

    @staticmethod
    def concurrently(*fns) -> None:
        """Call each of ``fns`` in its own thread, wait for all, and raise
        the first error. For set-up only."""
        errors = []

        def call(fn):
            try:
                fn()
            except BaseException as e:  # re-raised below, in the caller's thread
                errors.append(e)

        threads = [threading.Thread(target=call, args=(fn,)) for fn in fns]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def services(self, traced: bool) -> None:
        """Ops a traced run adds after its rounds; none by default."""

    # -- inputs through the public write API ----------------------------
    def frame(self, rows, deleted=None):
        """Spark frame of ``rows``; with ``deleted`` (a set of keys), plus
        the soft-delete marker column, set on those keys."""
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=list(COLUMNS))
        if deleted is not None:
            pdf[DELETE_COL] = [r[0] in deleted for r in rows]
        return self.spark.createDataFrame(pdf, schema=_schema(deleted is not None))

    def seed_write(self, rows) -> None:
        w = (
            # one write task per core, each partition's rows in one task:
            # one file group per partition
            self.frame(rows).repartition(self.spark.sparkContext.defaultParallelism, "part")
            .write.format("hudi_py").option("path", self.path)
            .option("hoodie.table.name", self.name)
        )
        for k, v in WRITE_OPTIONS.items():
            w = w.option(k, v)
        w.mode("append").save()

    def instants(self) -> list[str]:
        from hudi_rs_spark import HudiTable

        tl = HudiTable(self.path, self.spark).timeline
        return [i.timestamp for i in sorted(tl.instants, key=lambda i: i.sort_key())]

    def slices(self, as_of: str | None = None):
        from hudi_rs_spark import HudiTable

        return HudiTable(self.path, self.spark).get_file_slices(as_of)

    # -- one timed op -----------------------------------------------------
    def run_op(self, op_type: str, fn, check, traced: bool, log_scope=None,
               write_rows=None) -> None:
        """Time ``fn()`` (call plus action), then ``check(result)``.

        After a traced op, outside its timed wall, the log files of the
        slices it read are decoded beside it, and the files a write added
        are counted. During warm-up nothing is recorded and a wrong result
        stops the run."""
        op_id = f"{op_type}-{len(self.ops)}"
        rec = {"id": op_id, "type": op_type, "traced": traced, "ok": False, "rows": 0}
        before = tree_files(self.path) if traced and write_rows is not None else None
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_type)
        t0 = time.perf_counter()
        try:
            try:
                with self.tracer.op(op_id, op_type, traced):
                    result = fn()
            finally:
                rec["wall"] = time.perf_counter() - t0
                sc.setJobGroup("bench-untimed", "untimed")
            rec["rows"], rec["ok"] = check(result)
            if not rec["ok"]:
                print(f"# {op_id}: result differs from the model", flush=True)
        except Exception:  # a failed op is counted, and the loop goes on
            if self.warming:
                raise
            traceback.print_exc()
        if self.warming:
            if not rec["ok"]:
                raise RuntimeError(f"warm-up op {op_type} differs from the model")
            return
        if traced:
            self._decode_beside(op_id, log_scope)
            self._count_written(op_id, before, write_rows)
        self.ops.append(rec)

    def _decode_beside(self, op_id: str, log_scope) -> None:
        """``read_log_file`` over the log files of the slices the engine
        executed during the op (seen by the tracer); for connector ops,
        whose planning runs in a Python worker out of the tracer's sight,
        over the slices ``log_scope()`` names."""
        from hudi_rs_spark.logfile.reader import read_log_file

        c = self.tracer.counters[op_id]
        slices = self.tracer.executed.get(op_id) or (log_scope() if log_scope else [])
        paths = sorted({os.path.join(self.path, rel)
                        for s in slices for rel in s.log_file_relative_paths()})
        t0 = time.perf_counter()
        for p in paths:
            c["logfile.bytes"] += os.path.getsize(p)
            for b in read_log_file(p):
                c["logfile.blocks"] += 1
                c["logfile.records"] += len(b.records) + len(b.delete_records)
        c["logfile.decode_s"] += time.perf_counter() - t0

    def _count_written(self, op_id: str, before, write_rows) -> None:
        if before is None:
            return
        c = self.tracer.counters[op_id]
        after = tree_files(self.path)
        new = [p for p in after if p not in before]
        c["write.files_written"] += len(new)
        c["write.bytes_written"] += sum(after[p] for p in new)
        c["write.user_bytes"] += arrow_bytes(write_rows) if write_rows else 0

    # -- checks -------------------------------------------------------------
    @staticmethod
    def digest_check(expected):
        def check(row):
            got = tuple(int(v) for v in row)
            return got[0], got == expected
        return check

    def rows_check(self, expected_rows):
        want = sorted(expected_rows)

        def check(rows):
            got = sorted(tuple(r[c] for c in COLUMNS) for r in rows)
            return len(got), got == want
        return check

    def state(self) -> dict:
        """Input-size record of the workload's table."""
        slices = self.slices()
        return {
            "rows": len(self.model.live),
            "partitions": len({s.partition_path for s in slices}),
            "slices": len(slices),
            "base_files": sum(1 for s in slices if s.base_file is not None),
            "base_bytes": sum(s.base_file.size for s in slices if s.base_file),
            "log_files": sum(len(s.log_files) for s in slices),
            "log_bytes": sum(lf.size for s in slices for lf in s.log_files),
            "commits": len(self.instants()),
        }

    def bytes_per_user_byte(self) -> float:
        stored = sum(tree_files(self.path).values())
        return stored / arrow_bytes(self.model.rows())


class MorScan(Workload):
    """Full-table reads over a MOR table whose every slice carries a log
    file of updates and deletes."""

    name = "mor_scan"

    def build(self) -> None:
        from hudi_rs_spark.write import upsert

        cfg, m = self.cfg, self.model
        self.seed_write(m.insert_batch(cfg["rows"]))
        n_upd, n_del = int(cfg["rows"] * cfg["upsert_frac"]), int(cfg["rows"] * cfg["delete_frac"])
        ids = m.sample_live(n_upd + n_del)
        deleted = ids[n_upd:]
        upsert(self.frame(m.update_batch(ids[:n_upd], deleted=deleted), set(deleted)),
               self.path)
        commits = self.instants()
        if len(commits) != len(m.snapshots):
            raise RuntimeError(f"expected {len(m.snapshots)} commits, saw {commits}")
        self.expect = digest(m.rows())

    def reads(self):
        """One snapshot read through each surface, as ``(op type, fn,
        log scope)``: the connector, and ``HudiTable.read`` with
        executor-side log decode (the path the engine picks on its own past
        64 log files)."""
        from hudi_rs_spark import HudiReadOptions, HudiTable

        tr, agg = self.tracer, digest_columns()

        def sql():
            with tr.span("sources.load"):
                df = self.spark.read.format("hudi_py").option("path", self.path).load()
            with tr.span("spark.action"):
                return df.agg(*agg).collect()[0]

        def api():
            df = HudiTable(self.path, self.spark).read(HudiReadOptions(log_decode="distributed"))
            with tr.span("spark.action"):
                return df.agg(*agg).collect()[0]

        return [("sql_snapshot", sql, self.slices), ("api_snapshot", api, None)]

    def warm_up(self) -> None:
        check = self.digest_check(self.expect)
        self.concurrently(*(
            lambda t=t, fn=fn, scope=scope: self.run_op(t, fn, check, False, scope)
            for t, fn, scope in self.reads()
        ))

    def round(self, traced: bool):
        check = self.digest_check(self.expect)
        for op_type, fn, scope in self.reads():
            self.run_op(op_type, fn, check, traced, scope)
            yield

    def end_to_end(self) -> dict:
        walls = _walls(self.ops)
        scans = [o for o in self.ops if o["ok"] and not o["traced"]]
        return {
            "lead_op_p50_s": statistics.median(walls["sql_snapshot"]),
            "second_op_p50_s": statistics.median(walls["api_snapshot"]),
            "rows_per_s": sum(o["rows"] for o in scans) / sum(o["wall"] for o in scans),
        }


class UpsertIngest(Workload):
    """Fixed-size upsert and delete batches; each write is followed by a
    read-after-write check.

    A round is an upsert step and a delete step. Compaction and cleaning
    run once at the end of a traced run, as a traced op."""

    name = "upsert_ingest"

    def build(self) -> None:
        self.seed_write(self.model.insert_batch(self.cfg["rows"]))
        self.prev = self.instants()[-1]

    def _batch(self, kind: str):
        cfg, m = self.cfg, self.model
        if kind == "delete":
            ids = m.sample_recent(cfg["delete_batch"], cfg["recent_window"], cfg["recent_bias"])
            return m.delete_batch(ids), ids
        n_new = int(cfg["batch"] * cfg["insert_frac"])
        ids = m.sample_recent(cfg["batch"] - n_new, cfg["recent_window"], cfg["recent_bias"])
        rows = m.update_batch(ids, new_ids=n_new)
        return rows, [r[0] for r in rows]

    def commit(self, kind: str, rows, traced: bool) -> None:
        """``upsert`` or ``delete`` of ``rows``, timed until it returns
        with the commit visible."""
        from hudi_rs_spark.write import delete, upsert

        frame = self.frame(rows)
        write = upsert if kind == "upsert" else delete

        def fn():
            with self.tracer.span(f"write.{kind}"):
                write(frame, self.path)

        self.run_op("commit", fn, lambda _r: (len(rows), True), traced, None, rows)

    def fresh_read(self, start, end, lookup, changed, traced: bool) -> None:
        """``read_incremental(start, end)``, which must return ``changed``,
        plus ``point_lookup`` of the keys ``lookup``, which must return
        their live rows."""
        from hudi_rs_spark import HudiTable

        tr = self.tracer

        def fn():
            t = HudiTable(self.path, self.spark)
            inc = t.read_incremental(start, end)
            with tr.span("spark.action"):
                got = inc.agg(*digest_columns()).collect()[0]
            look = t.point_lookup([str(k) for k in lookup]).select(*COLUMNS)
            with tr.span("spark.action"):
                return got, look.collect()

        live = [self.model.row(k, self.model.live[k]) for k in lookup if k in self.model.live]
        dcheck, rcheck = self.digest_check(digest(changed)), self.rows_check(live)

        def check(res):
            n1, ok1 = dcheck(res[0])
            n2, ok2 = rcheck(res[1])
            return n1 + n2, ok1 and ok2

        self.run_op("fresh_read", fn, check, traced)

    def step(self, kind: str, traced: bool):
        """One write, then a read-after-write check of it: the commit's
        changes, incrementally, plus a lookup of keys the write touched."""
        rows, ids = self._batch(kind)
        lookup = sorted(self.model.rng.sample(ids, min(self.cfg["lookup_keys"], len(ids))))
        self.commit(kind, rows, traced)
        yield
        latest = self.instants()[-1]
        # an incremental read of a delete commit returns no rows
        self.fresh_read(self.prev, latest, lookup, rows if kind == "upsert" else [], traced)
        self.prev = latest
        yield

    def warm_up(self) -> None:
        """An upsert, and beside it a fresh read of the seed commit: the
        incremental read up to the seed instant, and a lookup of seed keys
        the upsert leaves alone, so the result does not depend on which
        finishes first. A delete is an upsert of tombstones, so this warms
        both writes."""
        seed_rows, seed_instant = self.model.rows(), self.prev
        rows, ids = self._batch("upsert")
        touched = set(ids)
        untouched = [r[0] for r in seed_rows if r[0] not in touched]
        lookup = sorted(self.model.rng.sample(untouched, self.cfg["lookup_keys"]))
        self.concurrently(
            lambda: self.commit("upsert", rows, False),
            lambda: self.fresh_read(None, seed_instant, lookup, seed_rows, False),
        )
        self.prev = self.instants()[-1]

    def round(self, traced: bool):
        yield from self.step("upsert", traced)
        yield from self.step("delete", traced)

    def services(self, traced: bool) -> None:
        from hudi_rs_spark import HudiTable
        from hudi_rs_spark.write import clean, compact

        def service():
            with self.tracer.span("write.compact"):
                compact(self.spark, self.path)
            with self.tracer.span("write.clean"):
                clean(self.path, retain_commits=self.cfg["retain_commits"])

        def check_service(_r):
            # outside the op's wall: the whole table after compaction and
            # cleaning must still equal the model
            got = HudiTable(self.path, self.spark).read().agg(*digest_columns()).collect()[0]
            return 0, self.digest_check(digest(self.model.rows()))(got)[1]

        self.run_op("service", service, check_service, traced, None, [])
        self.prev = self.instants()[-1]

    def end_to_end(self) -> dict:
        walls = _walls(self.ops)
        committed = sum(o["rows"] for o in self.ops if o["type"] == "commit" and not o["traced"])
        # the loop's time in engine calls (commits and fresh reads),
        # without the benchmark's own checks between them
        return {
            "lead_op_p50_s": statistics.median(walls["commit"]),
            "second_op_p50_s": statistics.median(walls["fresh_read"]),
            "rows_per_s": committed / sum(map(sum, walls.values())),
        }


def _walls(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        if not o["traced"]:
            out.setdefault(o["type"], []).append(o["wall"])
    return out


WORKLOADS = {w.name: w for w in (MorScan, UpsertIngest)}
